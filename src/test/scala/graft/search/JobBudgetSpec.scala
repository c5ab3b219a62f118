package graft.search

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.api.{Index, SearchRequest}
import graft.corpus.SourceFile
import graft.index.{Dump, IndexBuild, IndexConfig}
import graft.ops.Similarity
import graft.rank.MeiliRank

/** Spark jobs per read-path call, counted under a job group with the
  * listener bus drained before the count is read. Query-local constants
  * (idf, term → slot tables, the top-k rows) must never enter a plan
  * as a broadcast relation — each such relation costs its own job —
  * and a materialized page is a local relation whose collect runs no
  * job. Counted with AQE off, the query-session setting the
  * SearchEngine scaladoc prescribes (with AQE on, every exchange adds a
  * job). Driver-sized index metadata (the manifest with every build
  * setting, stats deltas, dictionary size, lineage) is read without a
  * job, and so are the dictionary and the tombstone set (parquet read
  * on the driver): opening an engine costs none, a fresh engine's first
  * search only its own job, and an append's count does not grow with
  * the index. Ranked
  * search reads the doc lengths stored in the posting blocks, never
  * doclen/, and a page's documents are read on the driver: BM25 is one
  * job, a cascade page one (highlighting included). */
class JobBudgetSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2,
    blockSize = 4, numPartitions = 2, positions = true)

  private def corpus = (0 until 40).map { i =>
    SourceFile(f"r$i%02d", f"p$i%02d.scala", f"c$i%04d", "scala",
      Seq("alpha", if (i % 3 == 0) "merge buffer" else "stream",
        f"word$i%02d", if (i % 4 == 0) "quick brown fox" else "lazy dog")
        .mkString(" "))
  }.toDS()

  private lazy val dir: String = {
    val d = tempDir("jobbudget")
    IndexBuild.build(spark, corpus, d, cfg)
    d
  }
  private lazy val tombstoned: String = {
    val d = tempDir("jobbudget-del")
    IndexBuild.build(spark, corpus, d, cfg)
    IndexBuild.delete(spark, d, Seq(0, 3, 12), "b1")
    d
  }

  private val groups = new AtomicLong

  /** Jobs started by `body` on this thread (and the broadcast threads
    * it spawns, which inherit the job group). */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobbudget-${groups.incrementAndGet()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
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
    n.get
  }

  /** `body` run 5 times back to back: every run must cost the same. */
  private def steadyJobs(body: => Any): Int = {
    val counts = (1 to 5).map(_ => jobsOf(body))
    assert(counts.distinct.size == 1, s"job counts vary across repeats: $counts")
    counts.head
  }

  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("warm engine: searchDF <= 1 job (AND and OR), searchWand = 1, MeiliRank.search <= 1") {
    withoutAqe {
      val e = new SearchEngine(spark, dir)
      val mr = new MeiliRank(e)
      e.searchDF("merge buffer", 10).collect() // loads the dictionary
      val df = steadyJobs(e.searchDF("merge buffer", 10).collect())
      val or = steadyJobs(e.searchDF("quick stream", 10, conjunctive = false).collect())
      val wand = steadyJobs(e.searchWand("merge buffer", 10).collect())
      val rank = steadyJobs(mr.search("quick brown fox", 5).collect())
      assert(df <= 1 && or <= 1, s"searchDF: $df (AND), $or (OR)")
      assert(wand == 1, s"searchWand: $wand")
      assert(rank <= 1, s"MeiliRank.search: $rank")
    }
  }

  test("api.Index.search: plain and offset pages <= 1 job, highlight <= 1, a lang-filtered page <= 2; searchHits <= 1") {
    withoutAqe {
      val e = new SearchEngine(spark, dir)
      val idx = new Index(e)
      e.searchDF("alpha", 1).collect()
      val plain = steadyJobs(idx.search(SearchRequest(q = "quick brown", limit = 5)).collect())
      val offset = steadyJobs(
        idx.search(SearchRequest(q = "quick brown", limit = 3, offset = 2)).collect())
      val hl = steadyJobs(idx.search(
        SearchRequest(q = "quick brown", limit = 5, highlight = true)).collect())
      val filtered = steadyJobs(idx.search(
        SearchRequest(q = "quick brown", limit = 5, filter = Some("lang = scala"))).collect())
      val hits = steadyJobs(e.searchHits("merge buffer", 5).collect())
      info(s"Index.search: plain $plain, offset $offset, highlight $hl, filtered $filtered; " +
        s"searchHits $hits")
      // the page's metadata and highlighted content are read on the
      // driver; a filter on a docs/ column broadcasts the matching
      // docIds (no doclen/ join: the filter names no `len`)
      assert(plain <= 1 && offset <= 1 && hl <= 1,
        s"Index.search: plain $plain, offset $offset, highlight $hl")
      assert(filtered <= FilteredPageBudget, s"lang-filtered page: $filtered")
      assert(hits <= 1, s"searchHits: $hits")
    }
  }

  /** The cascade's collect and the filter's docId broadcast (3 while the
    * page's documents were fetched by a Spark scan; 5 at the format-11
    * layout, where the cascade and the filter's doc view each joined
    * doclen/). */
  private val FilteredPageBudget = 2

  /** An index with every setting an engine loads at open: stop words,
    * tokenizer settings and (multi-field) fields. */
  private lazy val withSettings: String = {
    val d = tempDir("jobbudget-settings")
    val df = (0 until 20).map(i => (i, f"w$i%02d alpha", "lazy merge", "scala", "src"))
      .toDF("doc_id", "title", "body", "lang", "source")
    IndexBuild.buildMultiField(spark, df, "doc_id", Seq(("title", 0), ("body", 1)),
      "lang", "source", d, cfg.copy(stopWords = Set("lazy"),
        tokenizer = graft.functions.Tokenizer.TokSettings(nonSeparatorTokens = Set('#'))))
    d
  }

  test("opening an engine runs no Spark job") {
    withoutAqe {
      dir
      assert(steadyJobs(new SearchEngine(spark, dir)) == 0)
      assert(steadyJobs(new SearchEngine(spark, dir).td.size) == 0, "dictionary size")
      withSettings
      val e = new SearchEngine(spark, withSettings)
      assert(e.stopWords == Set("lazy") && e.fields.map(_._2) == Seq("title", "body") &&
        e.tokSettings.nonSeparatorTokens == Set('#'), "manifest settings were not loaded")
      assert(steadyJobs(new SearchEngine(spark, withSettings)) == 0, "settings index")
    }
  }

  test("fresh engine over a tombstoned index: open + first search within budget") {
    withoutAqe {
      tombstoned
      val first = (1 to 5).map(_ => jobsOf {
        val e = new SearchEngine(spark, tombstoned)
        val got = e.searchDF("merge buffer", 20).collect().map(_.getInt(0)).toSet
        assert(got.nonEmpty && !got.exists(Set(0, 3, 12)), s"tombstoned ids returned: $got")
      })
      assert(first.distinct.size == 1, s"job counts vary across repeats: $first")
      info(s"fresh engine first search: ${first.head} jobs")
      assert(first.head <= FreshTombstonedBudget, s"fresh first search: ${first.head}")
      // warm: the tombstone set is loaded and drops in the decode
      val e = new SearchEngine(spark, tombstoned)
      e.searchDF("merge buffer", 20).collect()
      val warm = steadyJobs(e.searchDF("merge buffer", 20).collect())
      val or = steadyJobs(e.searchDF("quick stream", 20, conjunctive = false).collect())
      val wand = steadyJobs(e.searchWand("merge buffer", 20).collect())
      val rank = steadyJobs(new MeiliRank(e).search("quick brown fox", 5).collect())
      assert(warm <= 1 && or <= 1, s"searchDF on a tombstoned index: $warm (AND), $or (OR)")
      assert(wand == 1, s"searchWand on a tombstoned index: $wand")
      assert(rank <= 1, s"MeiliRank.search on a tombstoned index: $rank")
    }
  }

  /** searchDF's one job: stats, the dictionary and the tombstone set
    * are read on the driver (3 while the dictionary and the tombstones
    * were Spark collects, 4 while searchDF also broadcast its postings
    * into a doclen/ join). */
  private val FreshTombstonedBudget = 1

  test("append (no positions, AQE on): <= 10 jobs, steady, and the same on a base of N and 4N docs") {
    // the build session's setting (perfbench builds with AQE on)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val c = cfg.copy(positions = false)
    def batch(b: Int) = (0 until 6).map { i =>
      SourceFile(f"z$b%02d", f"q$i%02d.scala", f"d$i%04d", "scala",
        s"delta ${Seq("kilo", "lima", "mike")(b - 1)} alpha w$i")
    }.toDS()
    def appendJobs(baseDocs: Int): Seq[Int] = {
      val d = tempDir("jobbudget-append")
      IndexBuild.build(spark, (0 until baseDocs).map { i =>
        SourceFile(f"r$i%04d", f"p$i%04d.scala", f"c$i%04d", "scala",
          s"alpha w${i % 97} ${if (i % 3 == 0) "merge buffer" else "stream"}")
      }.toDS(), d, c)
      val jobs = (1 to 3).map(b => jobsOf(IndexBuild.append(spark, batch(b), d, c, s"b$b")))
      val e = new SearchEngine(spark, d)
      assert(e.nDocs == baseDocs + 18)
      assert(e.searchDF("mike", 10).count() == 6)
      jobs
    }
    val small = appendJobs(40)
    val large = appendJobs(160)
    info(s"append jobs: base 40 -> $small, base 160 -> $large")
    assert(small.distinct.size == 1, s"append job counts vary across repeats: $small")
    assert(large == small, s"append job count grows with the index: $small vs $large")
    assert(small.head <= 10, s"append: ${small.head} jobs")
  }

  test("derived tables on a tombstoned index: exportDump and stale facet/prefix builds within budget; unchanged reruns run no job") {
    tombstoned
    val dump = tempDir("jobbudget-dump")
    val exported = jobsOf(Dump.exportDump(spark, tombstoned, dump))
    val facet = jobsOf(IndexBuild.buildFacetIndex(spark, tombstoned, Seq("lang")))
    val prefix = jobsOf(IndexBuild.buildPrefixIndex(spark, tombstoned, cfg, minDf = 2))
    info(s"exportDump $exported, buildFacetIndex $facet, buildPrefixIndex $prefix jobs")
    assert(exported <= ExportBudget, s"exportDump: $exported")
    assert(facet <= FacetBudget, s"stale buildFacetIndex: $facet")
    assert(prefix <= PrefixBudget, s"stale buildPrefixIndex: $prefix")
    // the index generation is unchanged: every marker matches
    assert(steadyJobs(Dump.exportDump(spark, tombstoned, dump)) == 0)
    assert(steadyJobs(IndexBuild.buildFacetIndex(spark, tombstoned, Seq("lang"))) == 0)
    assert(steadyJobs(IndexBuild.buildPrefixIndex(spark, tombstoned, cfg, minDf = 2)) == 0)
    // a completed import re-run: every stage is committed and every
    // derived marker matches, and the dump's manifest is read on the
    // driver
    val imported = tempDir("jobbudget-import")
    Dump.importDump(spark, dump, imported, cfg)
    assert(steadyJobs(Dump.importDump(spark, dump, imported, cfg)) == 0)
  }

  /** Measured 2 (3 while the settings were a one-row Spark JSON write,
    * 6 at the format-10 layout): docs/ and deleted/ are read with fixed
    * schemas, so no inference job, and the dump's manifest is written
    * on the driver. */
  private val ExportBudget = 2
  /** Measured 5 (7 at the format-10 layout, whose live-docs read
    * inferred the docs/ and deleted/ schemas). */
  private val FacetBudget = 5
  /** Measured 10 (14 at the format-10 layout, whose dict, prefix_dict,
    * postings and positions reads inferred their schemas). */
  private val PrefixBudget = 10

  /** Measured 3 for an id query, the byid/ lookup included. */
  private val LshBudget = 3

  test("LSH: the first lshIndexTopK call on a fresh dir runs as many jobs as a warm call") {
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val d = tempDir("jobbudget-lsh")
    Similarity.buildLshIndex(spark, emb, "vec_id", "embedding", d, nPlanes = 4)
    // a corpus id: its vector from byid/, then the vector query
    def byId(): Any = Similarity.lshIndexTopK(spark, d,
      Similarity.queryVector(emb, "vec_id", "embedding", 0L, Some(d)), 5).collect()
    val first = jobsOf(byId())
    val warm = steadyJobs(byId())
    info(s"lshIndexTopK: first $first, warm $warm jobs")
    assert(first == warm, s"first call $first vs warm $warm")
    assert(warm <= LshBudget, s"warm $warm > $LshBudget")
  }
}
