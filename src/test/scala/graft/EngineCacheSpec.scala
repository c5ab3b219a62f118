package graft

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.functions.col

import graft.corpus.SourceFile
import graft.index.{IndexBuild, IndexConfig}
import graft.search.SearchEngine

/** The one engine cache ([[DocIndex.open]]): keyed by (session, dir),
  * reused only while the dir's snapshot (lineage generation plus
  * derived-table markers) is unchanged, single-flight on a miss. */
class EngineCacheSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(docsPerShard = 8, termBuckets = 2,
    blockSize = 4, numPartitions = 2)

  private def src(i: Int, lang: String, content: String) =
    SourceFile(f"r$i%02d", f"p$i%02d.scala", f"c$i%04d", lang, content)

  /** A fresh 20-doc index: ten `scala` and ten `java` docs. */
  private def built(prefix: String): String = {
    val d = tempDir(prefix)
    IndexBuild.build(spark, (0 until 20).map(i =>
      src(i, if (i % 2 == 0) "scala" else "java", s"alpha word$i")).toDS(), d, cfg)
    d
  }

  private def hits(e: SearchEngine, q: String): Set[Int] =
    e.searchDF(q, 50).select($"docId").as[Int].collect().toSet

  test("after append, delete, a facet rebuild and a first prefix build, the cached engine answers post-mutation") {
    val d = built("enginecache-mut")
    IndexBuild.buildFacetIndex(spark, d, Seq("lang"))
    val e0 = DocIndex.open(spark, d)
    assert(DocIndex.open(spark, d) eq e0, "an unchanged index reuses its engine")
    assert(hits(e0, "fresh").isEmpty)
    assert(e0.facetRangeCount("lang", col("value") === "scala") == 10)

    IndexBuild.append(spark, (20 until 24).map(i => src(i, "scala", s"fresh word$i")).toDS(),
      d, cfg, "b1")
    val e1 = DocIndex.open(spark, d)
    assert(e1.nDocs == 24 && hits(e1, "fresh") == Set(20, 21, 22, 23), "after append")

    IndexBuild.delete(spark, d, Seq(20), "d1")
    val e2 = DocIndex.open(spark, d)
    assert(hits(e2, "fresh") == Set(21, 22, 23), "after delete")
    // the facet table as built before the append: loaded by this engine
    assert(e2.facetRangeCount("lang", col("value") === "scala") == 10)

    // a facet rebuild commits no lineage stage; its marker still moves
    // the snapshot, so the engine reading the rewritten table is new
    IndexBuild.buildFacetIndex(spark, d, Seq("lang"))
    val e3 = DocIndex.open(spark, d)
    assert(e3.facetRangeCount("lang", col("value") === "scala") == 13, "after facet rebuild")

    assert(!e3.prefixIndexed("fr"))
    IndexBuild.buildPrefixIndex(spark, d, cfg, minDf = 2)
    assert(DocIndex.open(spark, d).prefixIndexed("fr"), "after the first prefix build")
  }

  test("8 threads opening one cold key share one engine; another session gets its own") {
    val dir = built("enginecache-cold")
    val s2 = spark.newSession()
    val threads = 8
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    val engines =
      try {
        val fs = (1 to threads).map(_ => pool.submit(() => {
          barrier.await()
          DocIndex.open(s2, dir)
        }))
        fs.map(_.get(120, TimeUnit.SECONDS))
      } finally pool.shutdown()
    assert(engines.forall(_ eq engines.head), "one open per cold key")
    assert(engines.head.spark eq s2)
    val own = DocIndex.open(spark, dir)
    assert(own ne engines.head, "a session never receives another session's engine")
    assert(own.spark eq spark)
    assert(DocIndex.open(s2, dir) eq engines.head)
  }
}
