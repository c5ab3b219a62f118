package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.SourceFile
import graft.search.SearchEngine

/** Document deletion (U1 "del" half): lineage-committed tombstones,
  * every read path excludes them (declarative plan, WAND, positions,
  * facets), corpus statistics keep counting tombstones until compact()
  * (Lucene live-docs semantics → surviving scores are bit-identical
  * across a delete), compact() rewrites a tombstone-free index. */
class DeleteSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val cfg = IndexConfig(docsPerShard = 4, termBuckets = 2, blockSize = 4,
    numPartitions = 2, positions = true)

  // zero-padded repo so docid rank order == corpus index
  private def src(i: Int, content: String) =
    SourceFile(f"r$i%02d", f"p$i%02d.scala", f"c$i%04d", "scala", content)

  private def freshIndex(): String = {
    val dir = tempDir("del")
    val corpus = (0 until 12).map { i =>
      src(i, if (i % 3 == 0) "alpha merge buffer stream" else "alpha merge only")
    }.toDS()
    IndexBuild.build(spark, corpus, dir, cfg)
    dir
  }

  test("engine is a construction-time snapshot: a held engine serves the pre-append view, a new engine sees the delta") {
    val dir = freshIndex()
    val held = new SearchEngine(spark, dir)
    // touch the query path so the held engine resolves its table
    // listings (tableDF cache + lazy doclen) BEFORE the mutation
    val before = held.searchDF("buffer stream", 20).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(before.keySet == Set(0, 3, 6, 9))
    IndexBuild.append(spark,
      Seq(src(12, "extra buffer stream doc")).toDS(), dir, cfg, "snap1")
    // held engine: the documented RoTxn-style snapshot — same hits,
    // bit-identical scores, no half-visible delta segments
    val after = held.searchDF("buffer stream", 20).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(after == before, "held engine must keep the pre-append view")
    // a NEW engine sees the appended doc
    val fresh = new SearchEngine(spark, dir)
    assert(fresh.searchDF("buffer stream", 20).collect()
      .map(_.getInt(0)).toSet == Set(0, 3, 6, 9, 12))
  }

  test("delete excludes docs from every read path; surviving scores unchanged") {
    val dir = freshIndex()
    val before = new SearchEngine(spark, dir)
    val hitsBefore = before.searchDF("buffer stream", 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(hitsBefore.keySet == Set(0, 3, 6, 9))

    // delete two of the matching docs + one non-matching
    IndexBuild.delete(spark, dir, Seq(0, 6, 1), "1")
    val e = new SearchEngine(spark, dir)

    // declarative plan: survivors only, scores bit-identical
    val after = e.searchDF("buffer stream", 10).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(after.keySet == Set(3, 9))
    assert(after(3) == hitsBefore(3) && after(9) == hitsBefore(9),
      "Lucene semantics: deletes must not move surviving scores")
    // WAND agrees (deleted docids skipped, never scored with len 0)
    assert(e.searchWand("buffer stream", 10).collect().map(_.getInt(0)).toSet == Set(3, 9))
    // positions paths (phrase) exclude deleted
    assert(e.phrase(Seq("buffer", "stream")).collect().map(_.getInt(0)).toSet == Set(3, 9))
    // doc store + facets exclude deleted
    assert(e.docs.count() == 9)
    assert(e.facetDistribution("merge", "lang").collect().map(_.getLong(1)).sum == 9)
  }

  test("delete is idempotent per batch and composes with append") {
    val dir = freshIndex()
    IndexBuild.delete(spark, dir, Seq(0), "1")
    IndexBuild.delete(spark, dir, Seq(0), "1") // resume: no-op
    assert(new SearchEngine(spark, dir).docs.count() == 11)

    IndexBuild.append(spark, Seq(src(12, "zulu buffer stream")).toDS(), dir, cfg, "b1")
    val e = new SearchEngine(spark, dir)
    assert(e.docs.count() == 12)
    assert(e.searchDF("zulu", 10).collect().map(_.getInt(0)).toSet == Set(12))
  }

  test("compact rewrites a tombstone-free index with live statistics") {
    val dir = freshIndex()
    IndexBuild.delete(spark, dir, Seq(0, 6, 1), "1")
    val out = tempDir("delc")
    IndexBuild.compact(spark, dir, out, cfg)

    val a = new SearchEngine(spark, dir)
    val b = new SearchEngine(spark, out)
    assert(b.deletedDf.isEmpty, "compacted index has no tombstones")
    assert(b.docs.count() == 9 && b.nDocs == 9)
    // statistics converge to the live corpus at compaction
    val liveAvg = (2 * 4 + 7 * 3).toDouble / 9 // two len-4 docs, seven len-3
    assert(math.abs(b.avgdl - liveAvg) < 1e-9, s"${b.avgdl} vs $liveAvg")
    // same hit SET (scores legitimately shift: df/N shrink to live)
    def hitRepos(e: SearchEngine) =
      e.searchHits("buffer stream", 10).collect().map(_.getString(2)).toSet
    assert(hitRepos(a) == hitRepos(b) && hitRepos(b) == Set("r03", "r09"))
    // dict df shrinks to live docs
    val dfLive = spark.read.parquet(s"$out/dict")
      .filter($"term" === "buffer").select($"df").as[Long].head()
    assert(dfLive == 2)
  }
}
