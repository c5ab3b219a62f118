package graft.search

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.SparkTestBase
import graft.api.{Index, SearchRequest}
import graft.corpus.SourceFile
import graft.index.{IndexBuild, IndexConfig}
import graft.rank.MeiliRank

/** Query exchanges take their width from the query's own postings
  * (`SearchEngine.exchangeWidth`), not from the session's
  * `spark.sql.shuffle.partitions`: tasks per call are the same in a
  * query session of width 4 and of width 200, no plan gains an
  * exchange, and answers are bit-identical at every width. A small
  * positions index where every query takes one reducer, and one whose
  * two head terms take more than PostingsPerReducer postings; query
  * sessions with AQE off (the SearchEngine scaladoc's serving
  * setting). */
class ExchangeWidthSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2,
    blockSize = 4, numPartitions = 2, positions = true)

  private lazy val dir: String = {
    val d = tempDir("exchwidth")
    IndexBuild.build(spark, (0 until 40).map { i =>
      SourceFile(f"r$i%02d", f"p$i%02d.scala", f"c$i%04d", if (i % 2 == 0) "scala" else "java",
        Seq("alpha", if (i % 3 == 0) "merge buffer" else "stream",
          f"word$i%02d", if (i % 4 == 0) "quick brown fox" else "lazy dog")
          .mkString(" "))
    }.toDS(), d, cfg)
    d
  }

  /** 2,100 docs, each holding the phrase "alpha beta": "alpha beta"
    * reads 4,200 postings, more than one reducer's PostingsPerReducer. */
  private lazy val headDir: String = {
    val d = tempDir("exchwidth-head")
    IndexBuild.build(spark, (0 until 2100).map { i =>
      SourceFile(f"r${i % 10}%02d", f"p$i%04d.scala", f"c$i%04d", "scala",
        Seq("alpha", "beta", f"w${i % 50}%02d", if (i % 7 == 0) "quick brown" else "lazy dog")
          .mkString(" "))
    }.toDS(), d, cfg.copy(docsPerShard = 512))
    d
  }

  /** Rows of `df`, doubles as raw bits, in a fixed order. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString(","))

  /** A query session of the given width: AQE off, its own conf. */
  private def session(width: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val groups = new AtomicLong

  /** (jobs, tasks) started by `body` under its own job group. */
  private def workOf(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"exchwidth-${groups.incrementAndGet()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          e.stageIds.foreach(stages.add)
          jobs.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet(): Unit
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    (jobs.get, tasks.get)
  }

  /** Tasks of `body`, the same over 3 repeats. */
  private def steadyTasks(body: => Any): Int = {
    val counts = (1 to 3).map(_ => workOf(body)._2)
    assert(counts.distinct.size == 1, s"task counts vary across repeats: $counts")
    counts.head
  }

  test("exchangeWidth: ceil(postings / PostingsPerReducer), clamped to [1, session width]") {
    val per = SearchEngine.PostingsPerReducer
    val e = new SearchEngine(session(32), dir)
    assert(Seq(0L, 1L, per, per + 1, 5 * per, 31 * per + 1, 1000 * per)
      .map(e.exchangeWidth) == Seq(1, 1, 1, 2, 5, 32, 32))
    assert(new SearchEngine(session(1), dir).exchangeWidth(1000 * per) == 1)
  }

  test("tasks per call are pinned and equal at session widths 4 and 200; the session width is never written") {
    val counts = Seq(4, 200).map { w =>
      val s = session(w)
      val e = new SearchEngine(s, dir)
      val mr = new MeiliRank(e)
      val idx = new Index(e)
      e.searchDF("alpha", 1).collect() // loads the dictionary and tombstones
      val c = Map(
        "searchDF" -> steadyTasks(e.searchDF("merge buffer", 10).collect()),
        "searchWand" -> steadyTasks(e.searchWand("merge buffer", 10).collect()),
        "MeiliRank.search" -> steadyTasks(mr.search("quick brown fox", 5).collect()),
        // a split-word derivation: "quickbrown" matches the phrase quick brown
        "MeiliRank.search split" -> steadyTasks(mr.search("quickbrown", 5).collect()),
        "Index page" -> steadyTasks(idx.search(SearchRequest(q = "quick brown", limit = 5)).collect()),
        "Index page lang" -> steadyTasks(idx.search(
          SearchRequest(q = "quick brown", limit = 5, filter = Some("lang = scala"))).collect()))
      assert(s.conf.get("spark.sql.shuffle.partitions") == w.toString)
      c
    }
    info(s"tasks per call: ${counts.head}")
    assert(counts(0) == counts(1), s"width 4: ${counts(0)}; width 200: ${counts(1)}")
    assert(counts.head == TaskBudget, s"tasks per call: ${counts.head}")
  }

  /** Tasks per call on this index: the query's scan tasks plus one
    * reducer; the page's filter adds its broadcast's scan. Exchanges at
    * the session width cost 6, 6, 12, 14, 12 and 14 at width 4 and 202,
    * 202, 208, 406, 208 and 210 at width 200. */
  private val TaskBudget = Map("searchDF" -> 3, "searchWand" -> 3,
    "MeiliRank.search" -> 9, "MeiliRank.search split" -> 7, "Index page" -> 9,
    "Index page lang" -> 11)

  /** Exchanges (shuffle + broadcast) in each plan before the width
    * rule: a plan may lose exchanges, never gain one. */
  private val ParentExchanges = Map("plain" -> 1, "or" -> 1, "phrase" -> 4,
    "negative" -> 5, "filtered" -> 2, "wand" -> 1, "totalHits universe" -> 6,
    "facetDistribution" -> 3, "split cascade" -> 2)

  test("plans keep their exchange counts, run every shuffle at the query's width, and answer bit for bit at widths 1, 4 and 200") {
    def plans(e: SearchEngine): Seq[(String, DataFrame)] = Seq(
      "plain" -> e.searchDF("merge buffer", 40),
      "or" -> e.searchDF("quick stream", 40, conjunctive = false),
      "phrase" -> e.searchDF("\"quick brown\" alpha", 40),
      "negative" -> e.searchDF("alpha -stream -\"lazy dog\"", 40),
      "filtered" -> e.searchDF("alpha quick", 40, candidates = Some(e.filteredDocs("lang = scala"))),
      "wand" -> e.searchWand("alpha quick", 40, conjunctive = false),
      "totalHits universe" -> e.candidates("alpha \"quick brown\" -merge"),
      "facetDistribution" -> e.facetDistribution("alpha quick", "lang"),
      "split cascade" -> new MeiliRank(e).matchedDocs("quickbrown"))
    def answers(e: SearchEngine): Seq[Any] =
      plans(e).map { case (_, df) => bits(df) } ++ Seq(e.totalHits("alpha quick", filter = Some("lang = scala")),
        e.totalHits("alpha -\"lazy dog\""))
    val at = Seq(1, 4, 200).map { w =>
      val e = new SearchEngine(session(w), dir)
      plans(e).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val shuffles = plan.collect { case x: ShuffleExchangeExec => x }
        val exchanges = shuffles.size + plan.collect { case x: BroadcastExchangeExec => x }.size
        assert(exchanges <= ParentExchanges(name), s"$name at width $w:\n$plan")
        // the facet value aggregate (the plan's outermost shuffle) is
        // keyed by value, not by posting, and keeps the session width
        val queryShuffles = if (name == "facetDistribution") shuffles.tail else shuffles
        assert(queryShuffles.forall(_.outputPartitioning.numPartitions == 1),
          s"$name at width $w:\n$plan")
      }
      answers(e)
    }
    at.tail.foreach(a => assert(a == at.head))
    assert(at.head.forall {
      case rows: Seq[_] => rows.nonEmpty
      case n: Long => n > 0
      case _ => true
    }, s"every query must match: ${at.head}")
  }

  test("a head-term query runs one reducer per PostingsPerReducer postings and answers bit for bit at every width") {
    assert(SearchEngine.PostingsPerReducer < 4200, "the fixture must need more than one reducer")
    def plans(e: SearchEngine): Seq[(String, DataFrame)] = {
      val mr = new MeiliRank(e)
      Seq(
        "searchDF" -> e.searchDF("alpha beta", 50),
        "negative" -> e.searchDF("alpha beta -lazy", 50),
        "wand" -> e.searchWand("alpha beta", 50, conjunctive = false),
        "candidates" -> e.candidates("alpha beta \"quick brown\""),
        "cascade" -> mr.matchedDocs("alpha beta"),
        "split cascade" -> mr.matchedDocs("alphabeta quick"))
    }
    val at = Seq(1, 4, 200).map { w =>
      val e = new SearchEngine(session(w), headDir)
      val mr = new MeiliRank(e)
      plans(e).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val reducers = plan.collect { case x: ShuffleExchangeExec => x.outputPartitioning.numPartitions }
        assert(reducers.nonEmpty && reducers.forall(r => if (w == 1) r == 1 else r > 1 && r < w),
          s"$name at width $w:\n$plan")
      }
      plans(e).map { case (_, df) => bits(df) } ++
        Seq(bits(mr.search("alpha beta quick", 20)), bits(mr.search("alphabeta quick", 20)))
    }
    at.tail.foreach(a => assert(a == at.head))
    assert(at.head.forall(_.nonEmpty), s"every query must match: ${at.head}")
  }
}
